"""Measurement plumbing shared by the workloads.

- :func:`percentile` reports a quantile together with its sample count
  and how many samples lie beyond it.
- :class:`RssSampler` samples the summed resident set of this process
  and every descendant (the JVM and its Python workers).
- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory around the benchmark's calls into the program, and reads Spark's
  own job, stage and task counters for a span from the status tracker
  and status store, keyed by a job group it sets. Disabled, it records
  nothing and sets no group.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Pct:
    value: float
    n: int
    beyond: int


def percentile(values: list[float], q: float) -> Pct:
    """Linearly interpolated ``q``-quantile (0 ≤ q ≤ 1) of ``values``,
    with the sample count and the number of samples strictly above it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return Pct(v, len(xs), sum(1 for x in xs if x > v))


def median(values: list[float]) -> float:
    return percentile(values, 0.5).value


#: a slow host may stretch the measured window to this multiple of
#: ``--seconds`` before the loop stops short of its operation count
WINDOW_CAP = 2.5


#: nominal time of a warm operation (a batch or a pass) on a 4-core host
NOMINAL_OP_S = 5.0


def window_ops(seconds: float) -> int:
    """Operations in the measured window: as many as take ``seconds`` at
    the nominal warm operation time (at least 2). The count, not the
    clock, ends the window, so that every run measures the same
    operations of the JVM's warm-up curve whatever the host's speed."""
    return max(2, round(seconds / NOMINAL_OP_S))


# ----------------------------------------------------------------------
# memory
# ----------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------------
# spans and Spark counters
# ----------------------------------------------------------------------

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: object = None
    group: str | None = None
    counters: dict = field(default_factory=dict)


def spark_counters(sc, group: str) -> dict:
    """Jobs, stages, tasks, executor run time, shuffle-write and spill
    bytes of the jobs in ``group``, read from Spark's status tracker and
    status store after the listener bus has drained."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


class Tracer:
    """Span recorder. ``span(name, op, jobs=True)`` also tags the Spark
    jobs the body launches (from the calling thread) with a job group
    unique to the span and records their counters at span exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self.overhead_s = 0.0
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op=None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            sp = Span(name, 0.0, parent=self._open[-1] if self._open else None, op=op)
            idx = len(self.spans)
            self.spans.append(sp)
            self._open.append(idx)
        prev = None
        if jobs and self.sc is not None:
            sp.group = f"{name}#{idx}"
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, sp.group)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp.group is not None:
                self.sc.setLocalProperty(_GROUP, prev)
                sp.counters = spark_counters(self.sc, sp.group)
            with self._lock:
                self._open.remove(idx)
            self.overhead_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def write(self, path: str) -> None:
        t_base = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "name": s.name,
                "start": s.start - t_base,
                "end": s.end - t_base,
                "parent": s.parent,
                "op": s.op,
                "counters": s.counters,
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f, default=str)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


@dataclass
class Result:
    """What a workload reports: operations attempted and failed, its
    end-to-end metrics, its per-layer metrics (filled when traced) and
    free-form notes for the stderr record."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def reduced(df):
    """``df`` folded to one row ``(n, x)``: its row count and the xor of a
    per-row ``xxhash64`` over every column — bench.py's reduction, with
    floating columns rounded to 6 decimals first so the checksum does not
    depend on summation order. Computing it computes every column."""
    from pyspark.sql import functions as F

    cols = [
        F.round(F.col(f.name), 6) if f.dataType.typeName() in ("double", "float") else F.col(f.name)
        for f in df.schema.fields
    ]
    h = df.select(F.xxhash64(*cols).alias("__h"))
    return h.agg(F.count("*").alias("n"), F.bit_xor("__h").alias("x"))


def materialize(df) -> int:
    """Compute ``df`` in full without shipping its rows; returns its row count."""
    return int(reduced(df).collect()[0]["n"])
