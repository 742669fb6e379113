"""Layer spans tagged with Spark job groups, and the per-stage counters
behind them read back from Spark's status store.

A span is opened around each call the benchmark makes into a layer (or,
for the calls one layer makes into another, around a wrapper installed by
:func:`instrument`). Every span gets its own job group, so each Spark job
belongs to exactly one span; a nested span re-tags the jobs it runs and
the parent's group is restored when it closes.

Counters are read in :meth:`Tracer.flush`, which the workloads call outside
their timed sections: ``statusTracker().getJobIdsForGroup(g)`` gives the
span's jobs, the status store gives each job's submission and completion
time and each stage's last attempt (status, tasks, executor CPU time,
shuffle and spill bytes). This works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

from stats import self_and_driver_time

LAYERS = (
    "views", "fastrp", "knn", "corating", "louvain",
    "recommend", "serving", "recommender", "etl",
)
COUNTERS = (
    "calls", "wall_ms", "driver_ms", "jobs", "stages", "stages_skipped",
    "tasks", "cpu_s", "shuffle_mb", "spill_mb",
)
# extra per-call counters a workload adds with Tracer.add
EXTRA = ("etl.write_amp", "etl.buckets_per_write")
UNITS = {"wall_ms": "ms", "driver_ms": "ms", "cpu_s": "s", "shuffle_mb": "MB",
         "spill_mb": "MB", "write_amp": "ratio"}
_MB = 1024 * 1024


class Tracer:
    """Collects spans when ``enabled``; otherwise every method is a no-op,
    so the untimed and timed code paths are the same code."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._seq = itertools.count()
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._totals = {layer: dict.fromkeys(COUNTERS, 0.0) for layer in LAYERS}
        self._extra: dict[str, list[float]] = {name: [] for name in EXTRA}

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        if layer not in self._totals:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {"layer": layer, "group": f"perfbench-{next(self._seq)}-{layer}",
               "children": [], "start": time.time()}
        parent = self._stack[-1] if self._stack else None
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], layer)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                parent["children"].append((rec["start"], rec["end"]))
                self._sc.setJobGroup(parent["group"], parent["layer"])
            self._pending.append(rec)

    def add(self, name: str, value: float) -> None:
        """Record one sample of an extra per-call counter (see ``EXTRA``)."""
        if self.enabled:
            self._extra[name].append(float(value))

    def flush(self) -> None:
        """Fold the closed spans' Spark counters into the layer totals."""
        if not self.enabled or not self._pending:
            return
        jsc = self._sc._jsc.sc()
        # job-end events reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in self._pending:
            tot = self._totals[rec["layer"]]
            jobs, stage_ids = [], set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                job = store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    jobs.append((job.submissionTime().get().getTime() / 1000.0,
                                 job.completionTime().get().getTime() / 1000.0))
                stage_ids.update(tracker.getJobInfo(jid).stageIds)
            wall, driver = self_and_driver_time(
                (rec["start"], rec["end"]), rec["children"], jobs)
            tot["calls"] += 1
            tot["wall_ms"] += wall * 1000
            tot["driver_ms"] += driver * 1000
            tot["jobs"] += len(jobs)
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    tot["stages_skipped"] += 1
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / _MB
                tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        self._pending.clear()

    def metrics(self) -> dict[str, dict]:
        """``<layer>.<counter>`` as ``{"value", "unit"}``: ``calls`` is the
        run's total, every other counter a mean per call (0 for a layer the
        workload never entered)."""
        self.flush()
        values = {}
        for layer, tot in self._totals.items():
            calls = tot["calls"]
            values[f"{layer}.calls"] = calls
            for c in COUNTERS[1:]:
                values[f"{layer}.{c}"] = tot[c] / calls if calls else 0.0
        for name, vals in self._extra.items():
            values[name] = sum(vals) / len(vals) if vals else 0.0
        return {name: {"value": v, "unit": UNITS.get(name.split(".", 1)[1], "count")}
                for name, v in values.items()}


def instrument(tracer: Tracer, module, names: tuple[str, ...], layer: str) -> None:
    """Wrap ``module.<name>`` for each name in a ``layer`` span, so calls
    that other modules make through the module attribute are traced."""
    if not tracer.enabled:
        return

    def wrap(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    for name in names:
        setattr(module, name, wrap(getattr(module, name)))
