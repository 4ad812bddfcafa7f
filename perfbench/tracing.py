"""Outside-in spans for traced benchmark runs.

A span wraps one call into a layer of the program from the benchmark's
side; nothing inside the program is instrumented. Each span records
its name, start, end, parent and run id, the range of Spark job ids
submitted while it was open, and two leak probes taken when it closes:
pinned RDD storage and live Python threads in the driver.

Spans map to Spark stages by job id (job -> stageIds), never by stage
call-site names: threaded writes and CompletableFuture callbacks give
most stages the same or no useful call site. Task metrics are read
from the application status store after the run, which works with the
Spark UI disabled. Job ids increase monotonically, and every layer call
joins its own threads before returning, so the ids submitted between a
span's open and close are exactly that call's jobs (plus those of child
spans, which are also the parent's).
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A span whose summed executor run time exceeds wall x cores by more
# than this share is flagged: it means jobs from outside the span were
# attributed to it (or the status store double-counts an attempt).
OVERCOMMIT_TOLERANCE = 0.10

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent_id: int | None
    start: float = 0.0
    end: float = 0.0
    job_lo: int = 0          # first Spark job id submitted in the span
    job_hi: int = 0          # one past the last
    pinned_mb_after: float = 0.0
    threads_after: int = 0
    # counts the caller attaches (rows_out, ir_rows_read, ...)
    counts: dict = field(default_factory=dict)
    # filled by Tracer.rollup()
    metrics: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    that makes no Spark call, so untraced runs carry no tracing cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # bookkeeping time spent inside open spans
        self._stack: list[Span] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Bind the session once it exists; spans opened before this
        (the session start itself) record wall time only."""
        self._spark = spark

    # ---------------------------------------------------------- probes
    def _jsc(self):
        return self._spark.sparkContext._jsc.sc()

    def _num_jobs(self) -> int:
        if self._spark is None:
            return 0
        return int(self._jsc().dagScheduler().numTotalJobs())

    def _pinned_mb(self) -> float:
        if self._spark is None:
            return 0.0
        infos = self._jsc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    # ----------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        """Open a span around a layer call; yields the Span so the caller
        can attach counts. Nested spans record their parent."""
        if not self.enabled:
            yield Span(name, self.run_id, -1, None)
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self.run_id, len(self.spans), parent, job_lo=self._num_jobs())
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.job_hi = self._num_jobs()
            sp.pinned_mb_after = self._pinned_mb()
            sp.threads_after = threading.active_count()
            self.overhead_s += time.perf_counter() - sp.end

    @contextmanager
    def patched(self, module, attr: str, span_name: str):
        """Temporarily replace ``module.attr`` with a version that runs
        inside a span, so callers that look the function up as a module
        global at call time (e.g. ``build_graph`` -> ``extract_stage``)
        are traced without changing the program."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # ---------------------------------------------------------- rollup
    def rollup(self, cores: int) -> dict:
        """Attach Spark rollups to every recorded span; returns run-level
        counters (stages missing from the status store, flagged spans)."""
        if not self.enabled or self._spark is None:
            return {"missing_stages": 0, "overcommitted_spans": 0}
        jsc = self._jsc()
        # task-end events reach the status store through the listener
        # bus asynchronously: drain it before reading metrics
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        gw = self._spark.sparkContext._gateway

        job_stages: dict[int, list[int]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            ids = j.stageIds().mkString(",")
            job_stages[int(j.jobId())] = [int(s) for s in ids.split(",")] if ids else []

        wanted = {s for sp in self.spans for j in range(sp.job_lo, sp.job_hi)
                  for s in job_stages.get(j, [])}
        stages: dict[int, list[dict]] = {}
        lst = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = int(s.stageId())
            if sid in wanted:
                stages.setdefault(sid, []).append(_stage_fields(s))

        missing = 0
        flagged = 0
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sp in self.spans:
            ids = {s for j in range(sp.job_lo, sp.job_hi) for s in job_stages.get(j, [])}
            missing += sum(1 for s in ids if s not in stages)
            attempts = [a for s in ids for a in stages.get(s, []) if a["status"] != "SKIPPED"]
            m = _sum_attempts(attempts)
            m["jobs"] = sp.job_hi - sp.job_lo
            m["stages"] = len(attempts)
            wall = sp.wall_s
            m["wall_s"] = wall
            m["util"] = m["run_s"] / (wall * cores) if wall > 0 else 0.0
            m["skew"] = _skew(store, quantiles, attempts)
            m["pinned_mb_after"] = sp.pinned_mb_after
            m["threads_after"] = sp.threads_after
            m.update(sp.counts)
            m["overcommitted"] = m["run_s"] > wall * cores * (1 + OVERCOMMIT_TOLERANCE)
            flagged += m["overcommitted"]
            sp.metrics = m
        return {"missing_stages": missing, "overcommitted_spans": flagged}

    def records(self) -> list[dict]:
        return [
            {"name": sp.name, "run_id": sp.run_id, "span_id": sp.span_id,
             "parent_id": sp.parent_id, "start": sp.start, "end": sp.end,
             "job_ids": [sp.job_lo, sp.job_hi], **sp.metrics}
            for sp in self.spans
        ]

    def median(self, name: str, metric: str) -> float:
        """Median of ``metric`` over the spans called ``name`` that carry
        it; 0.0 when this workload never entered that layer."""
        vals = [sp.metrics[metric] for sp in self.spans
                if sp.name == name and metric in sp.metrics]
        return float(statistics.median(vals)) if vals else 0.0


def _stage_fields(s) -> dict:
    return {
        "stage_id": int(s.stageId()),
        "status": str(s.status()),
        "attempt": int(s.attemptId()),
        "tasks": int(s.numCompleteTasks()),
        "run_ms": int(s.executorRunTime()),
        "cpu_ns": int(s.executorCpuTime()),
        "gc_ms": int(s.jvmGcTime()),
        "shuffle_write_b": int(s.shuffleWriteBytes()),
        "spill_b": int(s.diskBytesSpilled()),
        "output_b": int(s.outputBytes()),
    }


def _sum_attempts(attempts: list[dict]) -> dict:
    run_s = sum(a["run_ms"] for a in attempts) / 1e3
    cpu_s = sum(a["cpu_ns"] for a in attempts) / 1e9
    gc_s = sum(a["gc_ms"] for a in attempts) / 1e3
    return {
        "run_s": run_s,
        "jvm_cpu_s": cpu_s,
        "gc_s": gc_s,
        # executor time neither on a JVM CPU nor in GC: Python workers,
        # the Arrow crossing, IO and waiting for a core
        "offcpu_s": run_s - cpu_s - gc_s,
        "tasks": sum(a["tasks"] for a in attempts),
        "shuffle_write_mb": sum(a["shuffle_write_b"] for a in attempts) / MB,
        "spill_mb": sum(a["spill_b"] for a in attempts) / MB,
        "output_mb": sum(a["output_b"] for a in attempts) / MB,
    }


def _skew(store, quantiles, attempts: list[dict]) -> float:
    """max / median task run time of the span's largest stage."""
    if not attempts:
        return 0.0
    big = max(attempts, key=lambda a: a["run_ms"])
    summary = store.taskSummary(big["stage_id"], big["attempt"], quantiles)
    if not summary.isDefined():
        return 0.0
    dist = summary.get().executorRunTime()
    med, top = float(dist.apply(0)), float(dist.apply(1))
    return top / med if med > 0 else 0.0
