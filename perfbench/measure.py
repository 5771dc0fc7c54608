"""Timing, statistics and tracing shared by the three workloads.

``Recorder`` times every operation of a run and counts failures. When the
run is traced it alternates, per operation kind, between a traced and an
untraced call: a traced call runs under its own Spark job group (one group
per span, so jobs are attributed to the layer call that launched them) and
the jobs, stages and failed tasks of that group are harvested from
``sparkContext.statusTracker()`` after each pass, outside every timed
interval. Spans stay in memory until ``Tracer.write``.
"""

from __future__ import annotations

import functools
import inspect
import json
import math
import statistics
import sys
import time
from contextlib import contextmanager

FAILED = object()  # result of an operation that raised


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90(values) -> float:
    values = list(values)
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=10, method="inclusive")[-1])


def mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(map(math.log, values))) if values else 0.0


class Stopwatch:
    """``with Stopwatch() as t: ...`` leaves the elapsed time in ``t.ms``."""

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.ms = (time.perf_counter() - self._t) * 1e3


def growth_ratio(values) -> float:
    """Mean of the last quartile of a series over the mean of its first
    quartile: 1.0 means per-operation cost does not grow with history."""
    values = list(values)
    if not values:
        return 0.0
    q = max(1, len(values) // 4)
    head = mean(values[:q])
    return mean(values[-q:]) / head if head else 0.0


class Tracer:
    """Spans with Spark job groups; counts harvested from the status
    tracker, which works with the Spark UI disabled."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unharvested: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["groups"][0], span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "groups": [f"perfbench-{sid}"],
            "start_ms": (time.perf_counter() - self._t0) * 1e3,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["end_ms"] = (time.perf_counter() - self._t0) * 1e3
            self._stack.pop()
            self._set_group(parent)
            self._unharvested.append(span)

    def harvest(self) -> None:
        """Fill jobs / stages / failed_tasks of every closed span. Waits for
        the listener bus first: job events reach the status store
        asynchronously."""
        if not self._unharvested:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for span in self._unharvested:
            jobs = sorted({j for g in span["groups"] for j in st.getJobIdsForGroup(g)})
            stages, failed = set(), 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si and si.numCompletedTasks + si.numFailedTasks > 0:
                        stages.add(s)
                        failed += si.numFailedTasks
            span.update(jobs=len(jobs), stages=len(stages), failed_tasks=failed)
        self._unharvested.clear()

    def total(self, span: dict, key: str) -> int:
        """``key`` summed over ``span`` and all its descendants."""
        ids, out = {span["id"]}, 0
        for s in self.spans[span["id"]:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out += s.get(key, 0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class CodecsProbe:
    """Counts calls into every public function of ``functions.codecs`` and
    the wall time spent inside the outermost ones. The functions are
    enumerated at run time and replaced in every loaded package module that
    imported them by name, so module-level ``from .codecs import f`` call
    sites are counted too."""

    def __init__(self, package: str = "mobilitydatalakebenchmark_spark"):
        from mobilitydatalakebenchmark_spark.functions import codecs

        self.calls = 0
        self.ms = 0.0
        self._depth = 0
        self._orig = {
            name: fn
            for name, fn in vars(codecs).items()
            if inspect.isfunction(fn)
            and fn.__module__ == codecs.__name__
            and not name.startswith("_")
        }
        wrapped = {name: self._wrap(fn) for name, fn in self._orig.items()}
        self.patched = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(package):
                continue
            for name, fn in self._orig.items():
                if getattr(mod, name, None) is fn:
                    setattr(mod, name, wrapped[name])
                    self.patched += 1

    def _wrap(self, fn):
        @functools.wraps(fn)
        def probe(*args, **kwargs):
            self.calls += 1
            self._depth += 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.ms += (time.perf_counter() - t) * 1e3

        return probe


class Recorder:
    """Times the operations of one run and accounts for failures."""

    def __init__(self, t0: float, tracer: Tracer | None):
        self.t0 = t0
        self.tracer = tracer
        self.probe: CodecsProbe | None = None
        self.setup_s = 0.0
        self.timed_s = 0.0
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._kind_count: dict[str, int] = {}
        self._current: dict | None = None
        self._timed_start = None

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def start_timed(self) -> None:
        if self.probe is not None:  # count the timed passes only
            self.probe.calls, self.probe.ms = 0, 0.0
        self._timed_start = time.perf_counter()

    def end_timed(self) -> None:
        self.timed_s = time.perf_counter() - self._timed_start

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def call(self, kind: str, fn, timed: bool = True):
        """Run ``fn()`` as one operation of ``kind``. Returns its result, or
        ``FAILED`` if it raised (counted as a failed operation)."""
        self.attempted += 1
        traced = False
        if timed:
            # alternate per kind, starting parity by kind, so traced and
            # untraced calls of every kind share each pass
            n = self._kind_count.setdefault(kind, len(self._kind_count) % 2)
            self._kind_count[kind] = n + 1
            traced = self.tracer is not None and n % 2 == 0
        op = {"kind": kind, "traced": traced, "phases": {}, "span": None}
        self._current = op
        t = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(kind) as span:
                    op["span"] = span
                    result = fn()
                    if hasattr(result, "runId"):  # streaming query: Spark runs
                        span["groups"].append(str(result.runId))  # it under its runId
            else:
                result = fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            result = FAILED
            self.fail(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
        op["ms"] = (time.perf_counter() - t) * 1e3
        self._current = None
        if timed:
            self.ops.append(op)
        return result

    @contextmanager
    def phase(self, name: str):
        """Time a named part of the current operation (a child span when the
        operation is traced)."""
        op = self._current
        t = time.perf_counter()
        try:
            if op is not None and op["traced"]:
                with self.tracer.span(f"{op['kind']}.{name}") as span:
                    op.setdefault("phase_spans", {})[name] = span
                    yield
            else:
                yield
        finally:
            if op is not None:
                op["phases"][name] = (time.perf_counter() - t) * 1e3

    def harvest(self) -> None:
        if self.tracer is not None:
            self.tracer.harvest()

    # -- per-kind summaries -------------------------------------------------

    def of(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind]

    def ms(self, kind: str) -> list[float]:
        return [o["ms"] for o in self.of(kind)]

    def counts(self, ops: list[dict], key: str = "jobs", phase: str | None = None) -> list[int]:
        """Harvested ``key`` per traced op (whole op, or one phase)."""
        out = []
        for o in ops:
            if not o["traced"] or o["span"] is None:
                continue
            span = o["span"] if phase is None else o.get("phase_spans", {}).get(phase)
            if span is not None:
                out.append(self.tracer.total(span, key))
        return out

    def end_to_end(self) -> dict:
        """Latency percentiles are taken per operation kind and combined
        by geometric mean over the kinds of the mix. A percentile of the
        pooled latencies would fall in the gap between two kinds whose
        latencies differ several-fold (the eight stores' reads do), where
        a few slow or fast calls move it from one kind's level to the
        other's."""
        kinds: dict[str, list[float]] = {}
        for o in self.ops:
            kinds.setdefault(o["kind"], []).append(o["ms"])
        return {
            "op_p50_ms": geomean(p50(ms) for ms in kinds.values()),
            "op_p90_ms": geomean(p90(ms) for ms in kinds.values()),
            "ops_per_s": len(self.ops) / self.timed_s if self.timed_s else 0.0,
            "setup_s": self.setup_s,
        }

    def trace_overhead_pct(self) -> float:
        """Median over operation kinds of the traced calls' median latency
        against the untraced calls' of the same kind, as a percentage."""
        ratios = []
        for kind in self._kind_count:
            ops = self.of(kind)
            traced = [o["ms"] for o in ops if o["traced"]]
            plain = [o["ms"] for o in ops if not o["traced"]]
            if traced and plain:
                ratios.append(p50(traced) / p50(plain))
        return 100.0 * (p50(ratios) - 1.0) if ratios else 0.0
