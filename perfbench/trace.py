"""Spans around the engine's public calls and the counters behind them.

A span wraps one call into an engine layer. It runs under its own Spark
job group, so the jobs, stages and tasks it caused can be read back from
the status store (``statusTracker`` for job ids, then
``statusStore().lastStageAttempt(id)`` for stage metrics; both work with
the UI off). Group ids are unique per span: a name reused across
repetitions would merge their counts.

In the traced run a span also forces its output at the boundary
(``cache().count()``), so the work lands in the span that asked for it.
The untraced run uses ``NullTracer``, which does neither.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")

# counters every span records, with their units
GENERIC = {
    "self_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
MB = 1e6


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


@dataclass
class Span:
    name: str
    iteration: int | None
    start: float
    end: float = 0.0
    group: str = ""
    children: list = field(default_factory=list)
    job_intervals: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        """Duration minus the part of it the child spans cover."""
        kids = [(c.start, c.end) for c in self.children]
        return (self.end - self.start) - covered(kids, self.start, self.end)

    @property
    def driver_s(self) -> float:
        """Self time during which none of the span's own jobs ran."""
        return max(0.0, self.self_s - covered(self.job_intervals,
                                              self.start, self.end))

    def add(self, **counts) -> None:
        for k, v in counts.items():
            self.counts[k] = self.counts.get(k, 0) + v


class NullTracer:
    """The untraced run: no job groups, no forcing, no counters."""

    enabled = False
    iteration: int | None = None

    @contextmanager
    def span(self, name: str):
        yield Span(name, None, 0.0)

    def force(self, df):
        return df

    def tally(self, span: Span, **thunks) -> None:
        pass

    def finish_iteration(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._cached = []
        self._open: list[Span] = []     # closed spans awaiting counters
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.iteration, time.time(),
                 group=f"perfbench-{next(self._ids)}-{name}")
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)
            self._open.append(s)

    def force(self, df):
        """Materialize ``df`` inside the current span."""
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def tally(self, span: Span, **thunks) -> None:
        """Counters that need an extra Spark job, run under a job group of
        their own so that they count neither as ``span``'s jobs nor as
        those of the span still open around it."""
        self.sc.setJobGroup(f"perfbench-tally-{span.group}", "tally")
        try:
            span.add(**{k: f() for k, f in thunks.items()})
        finally:
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish_iteration(self) -> None:
        """Read the job counters of the spans closed since the last call
        and drop the forced caches. Called between iterations, outside
        every timed region; the status store keeps only the latest jobs,
        so counters cannot wait for the end of the run."""
        for s in self._open:
            self._read_jobs(s)
        self._open.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def _read_jobs(self, s: Span) -> None:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(("jobs", "tasks", "exec_run_s", "exec_cpu_s",
                           "shuffle_write_mb", "spill_mb", "input_mb"), 0)
        for jid in tracker.getJobIdsForGroup(s.group):
            c["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                s.job_intervals.append((sub.get().getTime() / 1e3,
                                        done.get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in self._seen_stages:
                    continue      # a reused shuffle stage counts once
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never ran (skipped)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                c["tasks"] += st.numTasks()
                c["exec_run_s"] += st.executorRunTime() / 1e3
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += (st.memoryBytesSpilled()
                                  + st.diskBytesSpilled()) / MB
                c["input_mb"] += st.inputBytes() / MB
        # bytes read by the span and everything it called: children close,
        # and so are read, before their parent
        c["incl_input_mb"] = c["input_mb"] + sum(
            k.counts.get("incl_input_mb", 0) for k in s.children)
        s.add(**c)


def scanned_mb(df, table_dir: str) -> float:
    """MB of the files under ``table_dir`` that the scans of ``df``
    selected, after partition and file pruning (Spark's "size of files
    read" scan metric). ``df`` must be cached and computed: the walk goes
    through the cache and adaptive-plan nodes into the plan that ran."""
    jvm = df.sparkSession.sparkContext._jvm
    want = "file:" + table_dir.rstrip("/")
    seen, total = set(), 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        key = jvm.System.identityHashCode(p)
        if key in seen:
            continue      # a reused exchange reaches the same scan twice
        seen.add(key)
        cls = p.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec":
            todo.append(p.relation().cacheBuilder().cachedPlan())
        elif cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            kids = p.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        if cls == "FileSourceScanExec":
            roots = p.relation().location().rootPaths()
            if any(roots.apply(i).toString().rstrip("/") == want
                   for i in range(roots.size())):
                total += p.metrics().apply("filesSize").value()
    return total / MB


def summarize(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: every counter summed over its occurrences and
    divided by the number of iterations it occurred in (a span outside
    the iterations, such as an index build, counts as one)."""
    out: dict[str, dict[str, float]] = {}
    iters: dict[str, set] = {}
    for s in spans:
        acc = out.setdefault(s.name, {})
        iters.setdefault(s.name, set()).add(s.iteration)
        for k, v in {"self_s": s.self_s, "driver_s": s.driver_s,
                     **s.counts}.items():
            acc[k] = acc.get(k, 0) + v
    for name, acc in out.items():
        n = len(iters[name])
        for k in acc:
            acc[k] /= n
    return out
