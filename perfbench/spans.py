"""In-memory spans around the engine's layer boundaries.

The benchmark wraps public functions at the names their callers resolve
(``builder.py`` binds ``collect_group_stats`` and the bootstrap kernels at
import, so the ``builder`` module's bindings are wrapped, not the defining
module's). Spans stay in memory; per-layer metrics are computed from them
when the run ends. Nothing here runs unless the traced run installs it.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op = -1

    def count(self, name: str, n: float = 1.0) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + n

    def wrap(self, name: str, fn, count: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
            self._stack.append(idx)
            if count:
                self.count(count)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx].end = time.perf_counter()

        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s.end - s.start - covered(s.start, s.end, children.get(i, []))
            out[s.name] = out.get(s.name, 0.0) + own
        return out


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# (metric, module path, attribute path, call-count metric): a span's self
# time per operation is reported under its metric name, and every call of
# the wrapped function adds one to the call-count metric
LAYERS = [
    ("csv.ingest_s", "oaxaca_blinder_rs_spark.sources.csv", "read_csv_bytes", None),
    ("mcp.self_s", "oaxaca_blinder_rs_spark.mcp_server", "McpServer.call_tool", None),
    ("engine_ops.run_decomposition_s", "oaxaca_blinder_rs_spark.operators.engine_ops", "run_decomposition", None),
    ("engine_ops.optimize_s", "oaxaca_blinder_rs_spark.operators.engine_ops", "optimize", None),
    ("engine_ops.efficient_frontier_s", "oaxaca_blinder_rs_spark.operators.engine_ops", "efficient_frontier", None),
    ("builder.run_s", "oaxaca_blinder_rs_spark.builder", "OaxacaBuilder.run", "builder.runs_per_op"),
    ("linalg.group_stats_s", "oaxaca_blinder_rs_spark.builder", "collect_group_stats", "linalg.group_stats_calls"),
    ("linalg.group_stats_s", "oaxaca_blinder_rs_spark.operators.engine_ops", "collect_group_stats", "linalg.group_stats_calls"),
    ("linalg.group_stats_s", "oaxaca_blinder_rs_spark.functions.linalg", "collect_group_stats", "linalg.group_stats_calls"),
    ("bootstrap.replicates_s", "oaxaca_blinder_rs_spark.builder", "bootstrap_group_stats", None),
    ("bootstrap.replicates_s", "oaxaca_blinder_rs_spark.builder", "bootstrap_group_stats_fast", "bootstrap.fast_path_calls"),
    ("rif.params_s", "oaxaca_blinder_rs_spark.operators.rif", "rif_group_params", None),
    ("rif.params_s", "oaxaca_blinder_rs_spark.operators.rif", "rif_params_from_pandas", None),
    ("akm.run_s", "oaxaca_blinder_rs_spark.operators.akm", "AkmBuilder.run", None),
]
SPAN_METRICS = list(dict.fromkeys(m for m, *_ in LAYERS))
COUNT_METRICS = list(dict.fromkeys(c for *_, c in LAYERS if c))


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every layer entry point; returns what ``uninstall`` restores."""
    import importlib

    saved = []
    for name, module, attr, count in LAYERS:
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        original = owner.__dict__[leaf]
        saved.append((owner, leaf, original))
        setattr(owner, leaf, tracer.wrap(name, original, count))
    return saved


def uninstall(saved: list[tuple[object, str, object]]) -> None:
    for owner, leaf, original in reversed(saved):
        setattr(owner, leaf, original)


class SparkJobCounter:
    """Jobs, stages and tasks one operation ran, read from the status
    tracker under a per-operation job group (works with the UI off)."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()

    def start(self, op: int) -> str:
        group = f"perfbench-op-{op}"
        self._sc.setJobGroup(group, group)
        return group

    def finish(self, group: str) -> dict[str, int]:
        jobs = self._tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
