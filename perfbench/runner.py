"""The closed loop: one client, one request at a time, checks off the clock.

A workload yields passes (lists or generators of :class:`Request`). The
loop clock counts only the time spent inside requests — the plan call plus
``collect_arrow`` of a DataFrame result; output checks, model updates and,
in a traced run, the ``noop`` re-execution and scheduler reads happen
between requests and are not counted.

In a traced run, request ``k`` of pass ``p`` is traced when ``k + p`` is
even, so over an even number of passes every position is measured once
with and once without the wrappers; the difference of the two medians is
the tracing overhead.
"""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

MAX_TRACEBACKS = 3


@dataclass
class Request:
    name: str
    kind: str  # query | read | write | compact
    plan: Callable[[], object]
    verify: Callable[[object], bool]
    build_span: str | None = None  # span around plan() (registry builders)


@dataclass
class Sample:
    name: str
    kind: str
    latency: float
    ok: bool
    request_id: int
    traced: bool
    rows: int = 0
    nbytes: int = 0
    noop: float = 0.0
    engine: dict = field(default_factory=dict)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Runner:
    def __init__(self, spark, tracer=None):
        from marasa_spark.collect import collect_arrow

        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.collect_arrow = collect_arrow
        self.samples: list[Sample] = []
        self._next_id = 0
        self._tracebacks = 0
        self._passes = None

    def run_request(self, req: Request, traced: bool) -> Sample:
        from pyspark.sql import DataFrame

        rid = self._next_id
        self._next_id += 1
        tr = self.tracer if traced else None
        if tr is not None:
            tr.install()
            tr.begin_request(rid)
            self.sc.setJobGroup(f"pb-req-{rid}", req.name)
        df, out, err = None, None, None
        t0 = time.perf_counter()
        try:
            with tr.span(req.build_span) if tr and req.build_span else nullcontext():
                out = req.plan()
            if isinstance(out, DataFrame):
                df = out
                with tr.span("collect.arrow") if tr else nullcontext():
                    out = self.collect_arrow(df)
        except Exception as e:  # a failed request is counted, not fatal
            err = e
        latency = time.perf_counter() - t0
        if tr is not None:
            tr.end_request()
            tr.uninstall()
        ok = err is None
        if ok:
            try:
                ok = bool(req.verify(out))
            except Exception as e:
                ok, err = False, e
        if err is not None and self._tracebacks < MAX_TRACEBACKS:
            self._tracebacks += 1
            print(f"request {req.name} failed:", file=sys.stderr)
            traceback.print_exception(err, file=sys.stderr)
        s = Sample(req.name, req.kind, latency, ok, rid, traced)
        if df is not None and ok:
            s.rows, s.nbytes = out.num_rows, out.nbytes
        if tr is not None:
            if df is not None and ok:
                self.sc.setJobGroup(f"pb-noop-{rid}", req.name)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                s.noop = time.perf_counter() - t1
            s.engine = self._engine_counts(f"pb-req-{rid}")
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return s

    def _engine_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def warmup(self, workload) -> int:
        """One untimed pass (codegen, JIT, first-run expectations); returns
        the number of its requests that failed."""
        self._passes = workload.passes()
        return sum(not self.run_request(req, False).ok for req in next(self._passes))

    def timed(self, seconds: float, trace: bool) -> int:
        """Untraced: requests until ``seconds`` of loop clock have passed,
        after at least one whole pass. The last pass may be cut short, so a run on a slowed-down host
        measures the same mix as a fast one, not fewer whole passes.
        Traced: whole passes, an even number and at least two, until another
        pair would pass ``seconds``. Returns the number of passes begun."""
        loop = 0.0
        passes = 0
        while True:
            before = loop
            for k, req in enumerate(next(self._passes)):
                s = self.run_request(req, trace and (k + passes) % 2 == 0)
                self.samples.append(s)
                loop += s.latency
                if not trace and passes and loop >= seconds:
                    return passes + 1
            passes += 1
            if not trace:
                if loop >= seconds:
                    return passes
            elif passes % 2 == 0 and loop + 2 * (loop - before) > seconds:
                return passes
