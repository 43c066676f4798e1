"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end, parent and free attributes. A span opened
with ``counters=True`` also carries the Spark counters of every job started
inside it (:mod:`sparkstats`); such spans are never nested, so each job is
counted once. Spans stay in memory for the run.

With tracing off (``Tracer(None)``) :meth:`Tracer.span` records nothing and
reads nothing, so the untraced run pays only an empty context manager.
The time the tracer spends on its own bookkeeping is accumulated in
``overhead_s``, which becomes ``trace.overhead_frac``.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

from sparkstats import COUNTERS, SparkCounters


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, counters: SparkCounters | None) -> None:
        self.counters = counters
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._pass: list[dict] = []
        self._first_span = 0

    @property
    def enabled(self) -> bool:
        return self.counters is not None

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs
             ) -> Iterator[dict]:
        rec: dict = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        t_in = time.perf_counter()
        first_job = self.counters.next_job_id() if counters else None
        rec.update(id=len(self.spans),
                   parent=self._stack[-1] if self._stack else None)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counters:
                rec["spark"], rec["job_intervals"] = self.counters.read(
                    first_job, self.counters.next_job_id())
                self._pass.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def begin_pass(self) -> float:
        """Start collecting a pass; returns the tracer time so far."""
        self._pass = []
        self._first_span = len(self.spans)
        return self.overhead_s

    def end_pass(self, wall_s: float, cores: int) -> dict[str, float]:
        """The ``spark.*`` per-layer values of the pass just run."""
        t_in = time.perf_counter()
        tot = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        for rec in self._pass:
            for k, v in rec["spark"].items():
                tot[k] += v
            intervals += rec["job_intervals"]
        out = {f"spark.{k}": v for k, v in tot.items()}
        out["spark.tasks_per_stage"] = (tot["tasks"] / tot["stages"]
                                        if tot["stages"] else 0.0)
        out["spark.core_busy_frac"] = tot["executor_run_s"] / (wall_s * cores)
        out["spark.no_job_s"] = max(0.0, wall_s - _union_s(intervals))
        # share of the pass inside the layer spans directly below it
        top = self.spans[self._first_span]
        out["trace.coverage_frac"] = sum(
            s["end"] - s["start"] for s in self.spans[self._first_span + 1:]
            if s["parent"] == top["id"]) / wall_s
        self.overhead_s += time.perf_counter() - t_in
        return out
