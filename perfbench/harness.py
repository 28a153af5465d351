"""Measurement core of the benchmark: spans, Spark status-store reads,
percentiles, on-disk accounting and the run-quality record.

Nothing here imports mack_spark; the workloads call the program and wrap
each call in :meth:`Tracer.span`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# --------------------------------------------------------------------------
# percentiles


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the ``p``-th
    percentile's interpolation position."""
    return n - 1 - int((n - 1) * p / 100.0)


def highest_supported_percentile(n: int, min_beyond: int = 10) -> Optional[int]:
    """The highest whole percentile with at least ``min_beyond`` samples
    beyond it, or None when ``n`` is too small for any."""
    for p in range(99, 0, -1):
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: int
    parent: Optional[int]
    name: str
    start: float  # epoch seconds
    end: float
    op_id: Optional[int]
    group: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[Tuple[float, float]],
                 lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - union_length(kids.get(s.sid, ()), s.start, s.end)
        for s in spans
    }


@dataclass
class StageRecord:
    stage_id: int
    submitted: float  # epoch seconds
    completed: float
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    shuffle_write: int
    input_bytes: int


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Disabled, :meth:`span` costs one attribute test. Enabled, each span
    sets a Spark job group, so the jobs a call starts can be read back
    from the status store (:meth:`stages_of`). Spans stay in memory and
    are written by :meth:`dump`."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._next = 0
        self.op_id: Optional[int] = None
        self._stage_cache: Dict[int, Optional[StageRecord]] = {}

    def _set_group(self, span: Optional[Span]) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, parent.sid if parent else None, name, time.time(), 0.0,
                  self.op_id, f"perfbench-{os.getpid()}-{sid}", dict(attrs))
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    # ---- Spark status store -------------------------------------------
    def _stage(self, stage_id: int) -> Optional[StageRecord]:
        if stage_id in self._stage_cache:
            return self._stage_cache[stage_id]
        from py4j.protocol import Py4JJavaError

        try:
            sd = self.sc._jsc.sc().statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError:
            rec = None
        else:
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                rec = StageRecord(
                    stage_id,
                    sub.get().getTime() / 1000.0,
                    comp.get().getTime() / 1000.0,
                    int(sd.numTasks()),
                    int(sd.numFailedTasks()),
                    sd.executorRunTime() / 1000.0,
                    sd.executorCpuTime() / 1e9,
                    int(sd.shuffleWriteBytes()),
                    int(sd.inputBytes()),
                )
            else:  # skipped: its output was reused from an earlier job
                rec = None
        self._stage_cache[stage_id] = rec
        return rec

    def jobs_of(self, groups: Iterable[str]) -> List[int]:
        st = self.sc.statusTracker()
        return sorted({j for g in groups for j in st.getJobIdsForGroup(g)})

    def stages_of(self, jobs: Iterable[int]) -> List[StageRecord]:
        st = self.sc.statusTracker()
        out = []
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                rec = self._stage(int(s))
                if rec is not None:
                    out.append(rec)
        return out

    def op_spans(self, op_id: int) -> List[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def dump(self, path: str, extra: dict) -> None:
        st = self_times(self.spans)
        rows = [
            {"id": s.sid, "parent": s.parent, "name": s.name, "op": s.op_id,
             "start": s.start, "end": s.end, "self_s": st[s.sid], **s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)


# --------------------------------------------------------------------------
# on-disk accounting


def file_sizes(roots: Iterable[str]) -> Dict[str, int]:
    out = {}
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(d, fn)
                try:
                    out[p] = os.stat(p).st_size
                except FileNotFoundError:
                    pass
    return out


def bytes_written(before: Dict[str, int], after: Dict[str, int]) -> int:
    """Bytes of files created or rewritten between two listings. Delta
    files are immutable; only pointer files such as ``_last_checkpoint``
    are rewritten in place, and they count whole."""
    return sum(sz for p, sz in after.items() if before.get(p) != sz)


def log_activity(before: Dict[str, int], after: Dict[str, int]) -> dict:
    """Commits, checkpoints and file actions added to ``_delta_log``
    directories between two listings, read from the commit JSON."""
    commits = checkpoints = log_bytes = adds = removes = 0
    for p, sz in after.items():
        if p in before or "/_delta_log/" not in p:
            continue
        fn = os.path.basename(p)
        if ".checkpoint" in fn and fn.endswith(".parquet"):
            checkpoints += 1
        elif fn.endswith(".json") and fn[:20].isdigit():
            commits += 1
            log_bytes += sz
            with open(p) as f:
                for line in f:
                    if line.startswith('{"add"'):
                        adds += 1
                    elif line.startswith('{"remove"'):
                        removes += 1
    return {"commits": commits, "checkpoints": checkpoints,
            "log_bytes": log_bytes, "adds": adds, "removes": removes}


# --------------------------------------------------------------------------
# host and process


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: Iterable[int]) -> float:
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process below it, reaped children included."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = fields
    kids = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, ()))
    return total / _CLK


def _cpu_ticks() -> Tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


def _loadavg() -> List[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class RunQuality:
    """Load average before and after, CPU steal over the run, CPU count.
    A run whose load exceeds its CPU count is flagged as disturbed."""

    def __init__(self):
        self.cpus = os.cpu_count() or 1
        self.load_before = _loadavg()
        self._ticks0 = _cpu_ticks()

    def finish(self) -> dict:
        load_after = _loadavg()
        total1, steal1 = _cpu_ticks()
        dt = max(total1 - self._ticks0[0], 1)
        peak = max(self.load_before[0], load_after[0])
        return {
            "cpus": self.cpus,
            "loadavg_before": self.load_before,
            "loadavg_after": load_after,
            "steal_frac": (steal1 - self._ticks0[1]) / dt,
            "disturbed": peak > self.cpus,
        }
