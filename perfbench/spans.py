"""Spans, Spark job accounting, plan metrics and process sampling.

A :class:`Tracer` records one span per call into a layer from the
benchmark's side of the call: name, layer, start, end, parent span and run
id.  Spans stay in memory until :meth:`Tracer.dump`.  Every recorded span
runs its Spark work under its own job group, so when it closes the tracer
reads from ``statusTracker()`` and the status store how many jobs and tasks
ran under it, how many tasks failed and how many shuffle bytes they wrote.

With ``traced=False`` only the ``bench`` root span of each iteration is
recorded (it still counts failed tasks, so the failure rate is measured in
untraced runs too) and :meth:`Tracer.materialize` is the identity.  With
``traced=True`` every layer span is recorded and ``materialize`` evaluates
a frame at the layer boundary, because Spark is lazy and the work would
otherwise be charged to whichever later layer forces it.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

import numpy as np

# Spark layers: these get job/task/shuffle/python counters and self time.
SPARK_LAYERS = (
    "spark.transform", "spark.mask", "spark.match", "sketch",
    "spark.pipeline", "spark.dedup", "spark.graph",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    python_s: float = 0.0
    failed: bool = False
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run_id = 0
        # job groups must be unique across tracers of one process
        self._group = f"bench-{os.getpid()}-{time.monotonic_ns()}"
        self._calls: dict[int, int] = {}
        self._store = self.sc._jsc.sc().statusStore()

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, layer: str = "bench"):
        """Record a span around a layer call; a no-op for layer spans in
        untraced mode.  An exception marks the span failed and propagates."""
        if layer not in ("bench", "bench.probe"):
            self._calls[self.run_id] = self._calls.get(self.run_id, 0) + 1
        if not self.traced and layer != "bench":
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, self.run_id,
                  parent.span_id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self._group}-{sp.span_id}"
        self.sc.setJobGroup(group, f"{layer}:{name}")
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._account(sp, group)
            if parent is not None:
                self.sc.setJobGroup(f"{self._group}-{parent.span_id}",
                                    f"{parent.layer}:{parent.name}")
            else:
                self.sc.setJobGroup(f"{self._group}-idle", "bench:idle")

    def _account(self, sp: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                stage = self._store.lastStageAttempt(stage_id)
                sp.tasks += stage.numCompleteTasks() + stage.numFailedTasks()
                sp.tasks_failed += stage.numFailedTasks()
                sp.task_s += stage.executorRunTime() / 1000.0
                sp.shuffle_bytes += stage.shuffleWriteBytes()
        if sp.tasks_failed:
            sp.failed = True

    def materialize(self, df):
        """Evaluate ``df`` at a layer boundary in traced mode and return a
        frame that reads the materialized rows; identity when untraced."""
        if not self.traced:
            return df
        out = df.localCheckpoint(eager=True)
        self.add_plan_metrics(df)
        return out

    def add_plan_metrics(self, df) -> None:
        """Python-worker time from the executed plan of ``df`` (after it
        ran), charged to the innermost open span."""
        if self.traced and self._stack:
            self._stack[-1].python_s += python_seconds(df)

    # ------------------------------------------------------------ reports

    def layer_calls(self, run_id: int) -> int:
        return self._calls.get(run_id, 0)

    def iteration_failed(self) -> bool:
        return any(s.failed for s in self.spans if s.run_id == self.run_id)

    def calls(self, run_id: int) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def self_times(self, run_id: int) -> dict[str, float]:
        """Per-layer self time of one run: each span's duration minus the
        part of it its child spans cover (children never overlap: one job
        in flight at a time)."""
        spans = self.calls(run_id)
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.span_id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + max(own, 0.0)
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": [asdict(s) for s in self.spans], **extra}, indent=1, default=str
        ))


def python_seconds(df) -> float:
    """Sum of ``pythonTotalTime`` over the Python-evaluation nodes of the
    executed (adaptive, final) plan of ``df``; 0 where not readable."""
    total_ms = 0

    def walk(node):
        nonlocal total_ms
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            total_ms += metrics.apply("pythonTotalTime").value()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if kind.endswith("QueryStageExec"):
            walk(node.plan())
            return
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception:  # noqa: BLE001 - plan internals differ across versions
        return 0.0
    return total_ms / 1000.0


# ----------------------------------------------------------------- process

def _pss_tree_bytes(root: int) -> int:
    """Proportional set size of ``root``'s descendants (the driver JVM, the
    PySpark daemon and its workers), not counting ``root`` itself.  PSS
    charges a page shared by several processes (the forked workers' common
    libraries) once in total, where summing RSS would count it per process."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    tree, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier} - tree
        tree |= frontier
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler(threading.Thread):
    """Samples the resident memory (PSS) of this process's descendants.  One
    sample reads every descendant's ``smaps_rollup`` (30-45 ms with a
    1.5 GB driver heap), so sampling more often would itself load a core."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.samples: list[int] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._stop_event.is_set():
            self.samples.append(_pss_tree_bytes(root))
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        """The 95th percentile of the samples, in bytes: the level memory
        stays at, without the sub-second spikes of concurrent batches."""
        self._stop_event.set()
        self.join(timeout=5)
        return float(np.percentile(self.samples, 95)) if self.samples else 0.0


def count_log(path: Path) -> tuple[int, int]:
    """(ERROR lines, non-existent-accumulator traces) in a Spark log."""
    errors = accumulators = 0
    error_line = re.compile(rb"^\S+ \S+ ERROR ")
    with open(path, "rb") as fh:
        for line in fh:
            if error_line.match(line):
                errors += 1
            if b"attempted to access non-existent accumulator" in line:
                accumulators += 1
    return errors, accumulators
