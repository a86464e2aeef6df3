"""Spans and Spark counters for the traced run.

A :class:`Tracer` opens a span around each call into a layer.  The
benchmark opens spans around its own calls into the program's public
entry points; in a traced run :meth:`Tracer.wrap` also replaces named
program functions *where they are imported* (a module attribute), so a
call into that layer opens a child span.  Each span gets its own Spark
job group; at the end the stage counters of each group are read from
the status store (``statusStore().lastStageAttempt``, which works with
the UI disabled) and the SQL plan graphs, and every span gets a self
time.  Spans stay in memory until :meth:`Tracer.collect`.

With ``enabled=False`` only the benchmark's own op spans are timed:
no job groups, no wrappers, no counter reads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

SPARK_COUNTERS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                  "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "input_rows", "output_bytes", "dispatch_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    isolated: bool = False          # extra work the traced run adds
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)   # own jobs' counters
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union(intervals) -> float:
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
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []
        #: seconds of isolated (trace-only) work inside the open op
        self.isolated_s = 0.0
        #: whether :meth:`isolated_noop` runs (off during set-up)
        self.isolate = True

    # ------------------------------------------------------------ spans

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str, isolated: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name,
                  None if parent is None else parent.id, 0.0,
                  isolated=isolated, attrs=dict(attrs))
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.id)
        self._stack.append(sp)
        if self.enabled:
            self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)
            if isolated:
                self.isolated_s += sp.dur

    # --------------------------------------------------------- wrapping

    def wrap(self, module, attr: str, name: str, before=None,
             after=None) -> None:
        """Replace ``module.attr`` by a spanned call.  Inside the span,
        ``before(args, kwargs)`` runs first and ``after(span, result,
        args, kwargs, state)`` last, ``state`` being what ``before``
        returned."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                state = before(args, kwargs) if before else None
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out, args, kwargs, state)
                return out

        spanned.__wrapped__ = orig
        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def isolated_noop(self, name: str, df) -> None:
        """Execute a lazy layer's DataFrame once into a ``noop`` sink,
        then count it, each as a child span marked isolated (their cost
        is not op time).  The row count lands on the calling span."""
        if not self.isolate:
            return
        caller = self._stack[-1]
        with self.span(name, isolated=True):
            df.write.format("noop").mode("overwrite").save()
        with self.span(name + ".count", isolated=True):
            caller.attrs["rows"] = df.count()

    # --------------------------------------------------------- counters

    def collect(self) -> None:
        """Attach self time to every span and, when enabled, Spark
        counters (after the timed region; reads the status stores)."""
        if self.enabled:
            self._stage_counters()
        for sp in self.spans:
            sp.self_s = sp.dur - _union(
                (self.spans[c].start, self.spans[c].end) for c in sp.children)

    def _stage_counters(self) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        # wall-clock offset: stage times are epoch ms, spans perf_counter
        off = time.time() - time.perf_counter()
        job_span: dict[int, int] = {}
        for sp in self.spans:
            stages = []
            jobs = list(tracker.getJobIdsForGroup(self._group(sp)))
            for j in jobs:
                job_span[j] = sp.id
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    stages.append(sid)
            c = dict.fromkeys(SPARK_COUNTERS, 0.0)
            c["jobs"] = len(jobs)
            ivals = []
            for sid in sorted(set(stages)):
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                sub, comp = s.submissionTime(), s.completionTime()
                if not (sub.isDefined() and comp.isDefined()):
                    continue           # skipped stage: reused shuffle
                c["stages"] += 1
                c["tasks"] += s.numTasks()
                c["exec_run_s"] += s.executorRunTime() / 1e3
                c["exec_cpu_s"] += s.executorCpuTime() / 1e9
                c["gc_s"] += s.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += s.shuffleReadBytes()
                c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                c["spill_bytes"] += s.diskBytesSpilled()
                c["input_rows"] += s.inputRecords()
                c["output_bytes"] += s.outputBytes()
                ivals.append((sub.get().getTime() / 1e3 - off,
                              comp.get().getTime() / 1e3 - off))
            sp.spark = c
            sp.attrs["_stage_ivals"] = ivals
        self._scan_rows(job_span)

    def _scan_rows(self, job_span: dict[int, int]) -> None:
        """Rows each span's SQL executions read per scanned location:
        ``span.attrs['scan_rows'] = {location: rows}``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = []
            keys = ex.jobs().keysIterator()
            while keys.hasNext():
                jobs.append(int(keys.next()))
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            metrics = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith("Scan"):
                    continue
                desc = node.desc()
                loc = desc.split("Location: ", 1)[-1].split("]", 1)[0] \
                    if "Location: " in desc else node.name()
                rows = 0
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() == "number of output rows":
                        v = metrics.get(m.accumulatorId())
                        if v.isDefined():
                            rows = int(str(v.get()).replace(",", ""))
                scans = self.spans[owner].attrs.setdefault("scan_rows", {})
                scans[loc] = scans.get(loc, 0) + rows

    # ------------------------------------------------------- reporting

    def subtree(self, sp: Span, include_isolated: bool = False):
        out, todo = [], [sp.id]
        while todo:
            s = self.spans[todo.pop()]
            if s.isolated and not include_isolated and s.id != sp.id:
                continue
            out.append(s)
            todo.extend(s.children)
        return out

    def spark_inclusive(self, sp: Span) -> dict:
        """Counters of a span's own jobs plus its non-isolated
        descendants'; ``dispatch_s`` is the span wall not covered by
        any of those stages running."""
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        ivals = []
        for s in self.subtree(sp):
            for k, v in s.spark.items():
                tot[k] += v
            ivals += [(max(a, sp.start), min(b, sp.end))
                      for a, b in s.attrs.get("_stage_ivals", ())
                      if b > sp.start and a < sp.end]
        iso = sum(s.dur for s in self.subtree(sp, True)
                  if s.isolated and s.id != sp.id)
        tot["dispatch_s"] = max(0.0, sp.dur - iso - _union(ivals))
        return tot

    def find(self, name: str, under: Span | None = None) -> list[Span]:
        pool = self.subtree(under, True) if under else self.spans
        return [s for s in pool if s.name == name]

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        out = []
        for s in self.spans:
            attrs = {k: v for k, v in s.attrs.items() if not k.startswith("_")}
            out.append({"id": s.id, "name": s.name, "parent": s.parent,
                        "start": round(s.start - t0, 6),
                        "end": round(s.end - t0, 6),
                        "self_s": round(s.self_s, 6),
                        "isolated": s.isolated, "attrs": attrs,
                        "spark": s.spark})
        return out
