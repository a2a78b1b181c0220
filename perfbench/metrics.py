"""Sample statistics, spans and the status-store readers the benchmark
measures layers with. Nothing here calls into the engine package."""

from __future__ import annotations

import contextlib
import math
import re
import threading
import time
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile``'s default)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: a weighted mean
    of all order statistics, with Beta((n+1)q, (n+1)(1-q)) weights. On
    a small sample of unlike queries it does not jump from one query to
    the next as the plain sample percentile does."""
    import numpy as np

    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(xs[0])
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # regularized incomplete beta at i/n, by integrating the density in
    # log space on a grid fine enough for n up to the stream's samples
    grid = np.linspace(0.0, 1.0, 200_001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(w, xs))


def beyond(samples: list[float], value: float) -> int:
    """How many samples lie strictly above ``value``."""
    return sum(1 for x in samples if x > value)


def supported_percentile(n: int, min_beyond: int = 10) -> int:
    """The highest whole percentile whose value has at least
    ``min_beyond`` of ``n`` samples above it (0 when none has)."""
    for p in range(99, 0, -1):
        k = math.ceil(n * p / 100.0)  # nearest-rank position of the p-th percentile
        if n - k >= min_beyond:
            return p
    return 0


def summary(samples: list[float], tail: float) -> dict:
    """Median and the ``tail`` percentile (Harrell-Davis), with the
    sample count, the count beyond the tail and the highest percentile
    the sample supports."""
    t = hd_quantile(samples, tail)
    return {
        "n": len(samples),
        "p50": hd_quantile(samples, 50),
        "tail_percentile": tail,
        "tail": t,
        "beyond_tail": beyond(samples, t),
        "supported_percentile": supported_percentile(len(samples)),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: str  # shared by every span of one query or one batch
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans. ``enabled=False`` makes every call a no-op, so
    untraced runs pay nothing but the method call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # open spans, per thread

    def begin(self, name: str, op: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, op, time.perf_counter(), parent=stack[-1] if stack else None)
            self.spans.append(s)
        stack.append(s.id)
        return s

    def end(self, span: Span | None, **counts) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        span.counts.update(counts)
        self._local.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        s = self.begin(name, op)
        try:
            yield s
        finally:
            self.end(s)

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        st = self.self_times()
        return [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_s": s.start - t0,
                "end_s": s.end - t0,
                "self_s": st[s.id],
                "counts": s.counts,
            }
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end) for s in spans}


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# Spark status stores (read with the UI off)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number (bytes, seconds, count).

    Spark renders ``sum`` metrics as ``"60,000"``, and ``size`` /
    ``timing`` metrics as ``"1.2 MiB"`` or, when several tasks
    reported, ``"total (min, med, max ...)\\n1.2 MiB (...)"``."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.replace(",", "").split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


STAGE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
NODE_KEYS = ("scan_s", "scan_bytes", "scan_rows", "python_rows", "python_bytes")
_PYTHON_NODE = re.compile(r"Python|Pandas|InPandas")


class StoreReader:
    """Per-operation counts from the status tracker, the core status
    store (stage metrics) and the SQL status store (plan-node metrics)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def execution_mark(self) -> int:
        return int(self.sql.executionsCount())

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict:
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        seen: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.core.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted: nothing stored
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def node_totals(self, since: int) -> dict:
        """Scan and Python-boundary node metrics of every SQL execution
        started after ``since`` (an :meth:`execution_mark`)."""
        out = dict.fromkeys(NODE_KEYS, 0.0)
        count = self.execution_mark()
        if count <= since:
            return out
        for e in self.conv.asJava(self.sql.executionsList(since, count - since)):
            eid = e.executionId()
            values = None
            seen: set[int] = set()
            for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
                nid = node.id()
                if nid in seen:
                    continue
                seen.add(nid)
                name = node.name()
                scan = name.startswith("Scan parquet")
                python = bool(_PYTHON_NODE.search(name))
                if not (scan or python):
                    continue
                if values is None:
                    values = self.conv.asJava(self.sql.executionMetrics(eid))
                for m in self.conv.asJava(node.metrics()):
                    metric = m.name()
                    v = parse_metric(values.get(m.accumulatorId()))
                    if scan and metric == "scan time":
                        out["scan_s"] += v
                    elif scan and metric == "size of files read":
                        out["scan_bytes"] += v
                    elif scan and metric == "number of output rows":
                        out["scan_rows"] += v
                    elif python and metric == "number of output rows":
                        out["python_rows"] += v
                    elif python and metric.startswith("data ") and "Python workers" in metric:
                        out["python_bytes"] += v
        return out
