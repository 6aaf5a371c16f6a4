"""Spans around the benchmark's calls into the engine's public functions.

Every span records its wall time. With tracing on, a span also tags the
Spark jobs it starts with ``setJobGroup(<name>#<n>)`` and reads the
Python workers' CPU from ``/proc`` at both ends; after the session
stops, ``layer_records`` joins the spans with the event-log fold. Spans
nest: leaving an inner span restores the outer span's job group.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

from perfbench import eventlog, procfs


@dataclass
class Span:
    name: str
    group: str
    op: int | None  # op index, or None for set-up
    start_ms: float  # epoch ms, the clock Spark's event log uses
    end_ms: float
    wall_ms: float
    python_cpu_ms: float
    depth: int


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # set once the session exists
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[str] = []
        self._seq = 0

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc
        if group is None:
            jsc.clearJobGroup()
        else:
            jsc.setJobGroup(group, group, False)

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{name}#{self._seq}"
        self._seq += 1
        py0 = 0.0
        if self.enabled:
            self._set_group(group)
            py0 = procfs.cpu_seconds(procfs.tree(), only_workers=True)
        self._stack.append(group)
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = (time.perf_counter() - p0) * 1e3
            t1 = time.time()
            self._stack.pop()
            py_ms = 0.0
            if self.enabled:
                py_ms = (procfs.cpu_seconds(procfs.tree(), only_workers=True)
                         - py0) * 1e3
                self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(Span(name, group, self.op, t0 * 1e3, t1 * 1e3,
                                   wall, py_ms, len(self._stack)))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs in a span.
        Callers that look the function up at call time (module globals,
        function-local imports) go through the span."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def layer_records(spans: list[Span], log_path: str) -> list[dict]:
    """One dict per span: its name, op, depth, job call sites and every
    ``layers.UNITS`` field."""
    groups = eventlog.fold(log_path)
    out = []
    for s in spans:
        g = groups.get(s.group, eventlog.GroupRecord())
        out.append({
            "name": s.name, "op": s.op, "depth": s.depth,
            "sites": dict(g.sites),
            "wall_ms": s.wall_ms,
            "driver_gap_ms": g.driver_gap_ms(s.start_ms, s.end_ms),
            "jobs": g.jobs,
            "executor_cpu_ms": g.executor_cpu_ms,
            "python_cpu_ms": s.python_cpu_ms,
            "shuffle_bytes": g.shuffle_bytes,
            "spill_bytes": g.spill_bytes,
            "python_exec_nodes": g.python_exec_nodes,
            "input_rows": g.input_rows,
        })
    return out
