"""Measurement helpers: process-tree CPU from /proc, medians, and the span
tracer of the traced run.

The tracer records a span (name, start, end, parent) around each call the
benchmark makes into a module, tags the Spark jobs the call runs with
``sc.setJobGroup`` and, after the timed phase, reads per-stage metrics
for those jobs from the application status store.  It works with
``spark.ui.enabled=false``, as the engine's session factory configures it.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    return s[s.rfind(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime of ``root`` and all its live descendants,
    in seconds.  Children that exited and were reaped inside the tree are
    in their parent's cutime/cstime."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        pid = int(name)
        kids.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def box_cpu_s() -> float:
    """Busy CPU seconds of the whole machine since boot (every process,
    this run's and others'), from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    # user nice system idle iowait irq softirq steal: all but idle/iowait
    return sum(int(x) for i, x in enumerate(f[:8]) if i not in (3, 4)) / _TICK


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def run_info() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "box_cpu_s": box_cpu_s(),
    }


class _NoSpan:
    """What a disabled tracer hands out: a span that records nothing."""

    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class Tracer:
    """Spans around calls into the engine, with the Spark work each caused.

    ``span(name)`` tags the jobs run inside it with a job group of its own
    (restoring the caller's group on exit, so spans nest and work from any
    thread, including a streaming ``foreachBatch``).  ``window(name)``
    records a span without a group; its jobs are those submitted while it
    was open, which is how a streaming trigger is attributed — its jobs run
    on the stream threads of two queries.  Disabled, both do nothing.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._jobs: dict[int, dict] | None = None
        self._stages: dict[int, dict] = {}

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def _open(self, name: str, grouped: bool):
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "group": f"perfbench-{sid}" if grouped else None,
            "start": time.time(),
            "end": None,
        }
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        if grouped:
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if grouped:
                for k, v in zip(keys, prev):
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(rec)

    def span(self, name: str):
        return self._open(name, True) if self.enabled else _NoSpan()

    def window(self, name: str):
        return self._open(name, False) if self.enabled else _NoSpan()

    def wrap_module(self, module, names: list[str], prefix: str):
        """Replace ``module.<name>`` with a wrapper that calls through under
        a span.  Callers that import the name at call time see the wrapper.
        Returns a function that puts the originals back."""
        if not self.enabled:
            return lambda: None
        saved = {n: getattr(module, n) for n in names}

        def wrapper(n, fn):
            @functools.wraps(fn)
            def traced(*a, **k):
                with self.span(f"{prefix}.{n}"):
                    return fn(*a, **k)

            return traced

        for n, fn in saved.items():
            setattr(module, n, wrapper(n, fn))

        def restore():
            for n, fn in saved.items():
                setattr(module, n, fn)

        return restore

    def fired(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    # -- harvest ---------------------------------------------------------

    def _load_jobs(self) -> dict[int, dict]:
        """Every job in the status store with its interval, group and stage
        ids, and the metrics of every stage that ran (read once, after the
        timed phase)."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        # stage metrics reach the store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        out: dict[int, dict] = {}
        seen_stages: dict[int, dict] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            grp = j.jobGroup()
            stage_ids = j.stageIds()
            rec = {
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "group": grp.get() if grp.isDefined() else None,
                "stages": [stage_ids.apply(k) for k in range(stage_ids.size())],
            }
            out[j.jobId()] = rec
            for sid in rec["stages"]:
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store no longer holds
                    seen_stages[sid] = {}
                    continue
                skipped = str(st.status()) == "SKIPPED"
                seen_stages[sid] = {} if skipped else {
                    "tasks": st.numTasks(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "input": st.inputBytes(),
                    "cpu_ns": st.executorCpuTime(),
                }
        self._stages = seen_stages
        return out

    def harvest(self) -> None:
        if self.enabled and self._jobs is None:
            self._jobs = self._load_jobs()

    def _job_ids(self, rec: dict) -> set[int]:
        """A window owns every job submitted while it was open.  A span owns
        the jobs of its own and its descendants' groups, plus ungrouped jobs
        submitted while it was open: those come from threads the call starts
        itself (a thread pool inside the engine), and the loop is closed."""
        groups = {s["group"] for s in self._descendants(rec)} - {None}

        def owned(j: dict) -> bool:
            if j["group"] in groups:
                return True
            inside = j["start"] is not None and rec["start"] <= j["start"] <= rec["end"]
            return inside and (rec["group"] is None or j["group"] is None)

        return {jid for jid, j in self._jobs.items() if owned(j)}

    def _descendants(self, rec: dict) -> list[dict]:
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s["id"], ()))
        return out

    def cost(self, rec: dict) -> dict:
        """Spark work attributed to one span: jobs, tasks, shuffle and input
        bytes, executor CPU time, and driver time (the span's wall minus the
        part of it its jobs cover)."""
        self.harvest()
        jids = self._job_ids(rec)
        stages = {sid for jid in jids for sid in self._jobs[jid]["stages"]}
        m = [self._stages.get(sid) or {} for sid in stages]
        wall = rec["end"] - rec["start"]
        spans = sorted(
            (max(j["start"], rec["start"]), min(j["end"], rec["end"]))
            for j in (self._jobs[jid] for jid in jids)
            if j["start"] is not None and j["end"] is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return {
            "wall_s": wall,
            "jobs": len(jids),
            "tasks": sum(x.get("tasks", 0) for x in m),
            "shuffle_bytes": sum(x.get("shuffle_write", 0) for x in m),
            "input_bytes": sum(x.get("input", 0) for x in m),
            "exec_cpu_s": sum(x.get("cpu_ns", 0) for x in m) / 1e9,
            "driver_s": max(0.0, wall - covered),
        }

    def named(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name), key=lambda s: s["start"])


def cached_bytes(spark) -> int:
    """Bytes the block manager still holds for persisted RDDs/frames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))
