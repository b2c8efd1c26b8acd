"""Run-time machinery of the layered benchmark: spans, deadlines,
engine counters and process-tree memory.

Nothing here knows about a workload. ``OpRunner`` runs one operation
under a Spark job group with a deadline; ``Tracer`` keeps spans in
memory; ``EngineStats`` reads job, task, shuffle, spill and GC figures
for a job group; ``RssSampler`` samples the resident memory of this
process and all its descendants (driver JVM, Python workers) from
``/proc``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass

# how long a cancelled operation may take to unwind before the run
# moves on without it (its job group keeps being cancelled meanwhile)
CANCEL_GRACE_S = 10.0


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    group: str | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """In-memory spans with parent links. Disabled, it still hands out
    job-group names (the deadline needs them) but records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # seconds spent inside start/finish while enabled
        self.overhead_s = 0.0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        """The innermost open span of the calling thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    def start(self, name: str, parent: Span | None = None, group: str | None = None) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sp = Span(
            name,
            next(self._ids),
            parent.span_id if parent else None,
            self.run_id,
            time.perf_counter(),
            group=group,
        )
        stack.append(sp)
        if self.enabled:
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += time.perf_counter() - t0
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        if self.enabled:
            with self._lock:
                self.overhead_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(kids.get(sp.span_id, []), key=lambda s: s.start):
                lo, hi = max(c.start, sp.start), min(c.end or sp.end, sp.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[sp.span_id] = sp.duration - covered
        return out


@dataclass
class OpResult:
    name: str
    ok: bool
    seconds: float
    value: object = None
    error: str | None = None
    group: str | None = None


class OpRunner:
    """Runs an operation in its own thread under its own Spark job
    group. A call that outlives its deadline has its job group cancelled
    and counts as failed, like one that raises or fails its check; the
    run continues either way."""

    def __init__(self, sc, tracer: Tracer):
        self.sc = sc
        self.tracer = tracer
        self._seq = itertools.count(1)
        self.results: list[OpResult] = []

    def run(self, name: str, fn, deadline_s: float, check=None) -> OpResult:
        """Call ``fn()`` under a fresh job group; ``check(value)`` returns
        None or a description of what is wrong with the output."""
        group = f"{self.tracer.run_id}-{next(self._seq)}-{name}"
        box: dict = {}
        parent = self.tracer.current()

        def target():
            self.sc.setJobGroup(group, name, interruptOnCancel=True)
            sp = self.tracer.start(name, parent=parent, group=group)
            t0 = time.perf_counter()
            try:
                box["value"] = fn()
                box["seconds"] = time.perf_counter() - t0
            except BaseException as e:  # noqa: BLE001 - the op boundary reports every failure
                box.setdefault("error", f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}")
            finally:
                self.tracer.finish(sp)
                self.sc.setLocalProperty("spark.jobGroup.id", None)

        th = threading.Thread(target=target, name=f"op-{name}", daemon=True)
        t_start = time.perf_counter()
        th.start()
        th.join(deadline_s)
        if th.is_alive():
            box["error"] = f"deadline: still running after {deadline_s:.1f} s, job group cancelled"
            threading.Thread(target=self._cancel_until_done, args=(group, th), daemon=True).start()
            th.join(CANCEL_GRACE_S)
        seconds = box.get("seconds", time.perf_counter() - t_start)
        res = OpResult(name, "error" not in box, seconds, box.get("value"), box.get("error"), group)
        if res.ok and check is not None:
            try:
                problem = check(res.value)
            except Exception as e:  # noqa: BLE001 - a crashing check is a failed check
                problem = f"check raised {type(e).__name__}: {e}"
            if problem:
                res.ok = False
                res.error = f"output check: {problem}"
        self.results.append(res)
        return res

    def _cancel_until_done(self, group: str, th: threading.Thread) -> None:
        while th.is_alive():
            try:
                self.sc.cancelJobGroup(group)
            except Exception:  # noqa: BLE001 - the context may be stopping
                return
            th.join(0.25)


class EngineStats:
    """Per-job-group Spark figures. Job, task and failed-task counts come
    from ``statusTracker``; shuffle write, spill and GC time from the
    Spark UI's REST API, which only the traced run enables."""

    def __init__(self, sc):
        self.sc = sc
        self.ui = sc.uiWebUrl
        self.app = sc.applicationId

    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1/applications/{self.app}/{path}", timeout=10) as r:
            return json.loads(r.read())

    def for_group(self, group: str) -> dict[str, float]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = 0
        for s in stage_ids:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
        out = {
            "jobs": float(len(job_ids)),
            "tasks": float(tasks),
            "failed_tasks": float(failed),
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "gc_ms": 0.0,
        }
        if not self.ui:
            return out
        for s in stage_ids:
            try:
                attempts = self._rest(f"stages/{s}")
            except OSError:
                continue
            for a in attempts:
                out["shuffle_write_mb"] += a.get("shuffleWriteBytes", 0) / 1e6
                out["spill_mb"] += a.get("diskBytesSpilled", 0) / 1e6
                out["gc_ms"] += a.get("jvmGcTime", 0)
        return out


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
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS from a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._th.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._th.join()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs: list[float]) -> tuple[float, float | None]:
    """(p, value): the highest percentile in {50, 90, 95, 99, 99.9} that
    has at least ten samples above it, and the sample at it."""
    s = sorted(xs)
    n = len(s)
    best = (50.0, s[(n - 1) // 2] if s else None)
    for p in (90.0, 95.0, 99.0, 99.9):
        i = min(n - 1, max(0, math.ceil(p / 100.0 * n) - 1))
        if n - 1 - i < 10:
            break
        best = (p, s[i])
    return best
